"""Generate a multi-thousand-lemma Russian lexicon as parquet.

The sandbox cannot install pymorphy2/OpenCorpora (SURVEY.md §7.1 R1),
so production-scale morphology ships as DATA: this tool declines
curated lemma lists through standard Russian paradigm templates
(textbook declension classes — public knowledge) and writes
entries/paradigms parquet consumable by ``Morphology.from_parquet``
(yargy_spark/kernel/morphology.py).  The same files feed the
suffix-based OOV predictor (kernel/predictor.py) with realistic
suffix -> (lemma formula, grams) statistics, mirroring the behavior
class of pymorphy2's KnownSuffixAnalyzer (reference morph.py:118-130
gets this from pymorphy2 itself).

Deterministic: fixed lists, fixed ordering, no timestamps.

Usage: python tools/gen_lexicon.py [out_dir]   (default
yargy_spark/data)
"""

from __future__ import annotations

import os
import sys

VELAR_HUSH = set('гкхжчшщ')
HUSH = set('жчшщ')
VOWELS = set('аеёиоуыэюя')

# --------------------------------------------------------------- lists
# Common Russian first names (male), nominative.
MALE_NAMES = '''
иван александр сергей алексей дмитрий андрей михаил николай владимир
евгений максим артем антон денис павел роман олег игорь виктор юрий
вадим василий валерий виталий геннадий георгий григорий даниил егор
константин леонид марк матвей никита глеб борис аркадий анатолий
арсений артур богдан валентин всеволод вячеслав герман давид захар
кирилл лев макар мирон назар нестор петр платон прохор родион ростислав
руслан савелий семен степан тарас тимофей тимур федор филипп эдуард
эльдар яков ярослав станислав вениамин игнат климент лаврентий
мстислав святослав трофим устин харитон чеслав шамиль щербан юлиан
афанасий гавриил елисей ефим захарий иннокентий ипполит казимир
лукьян мартын меркурий митрофан наум осип пантелей парфен пимен
разумник сазон тихон ульян фаддей фрол христофор
'''.split()

# Names declining like -й (алексей handled by generic consonant? no:
# ends 'й') and soft -ь names are picked out by ending automatically.

# Common Russian first names (female), nominative.
FEMALE_NAMES = '''
мария анна елена ольга наталья татьяна ирина светлана екатерина юлия
анастасия марина людмила галина валентина александра вера надежда
любовь ксения дарья полина софия алиса виктория вероника диана ева
елизавета жанна зинаида зоя инна карина кира клавдия кристина лариса
лидия лилия маргарита милана нина оксана раиса регина римма роза
руфина серафима снежана таисия тамара ульяна фаина эльвира эмилия
юлиана яна алевтина ангелина антонина валерия варвара василиса
владислава глафира евдокия евгения инесса капитолина леся лукерья
марфа матрена милица нонна олеся пелагея прасковья стефания феврония
федора харита агата агния аделина азалия алла амалия арина астра
белла бронислава виолетта влада габриэлла генриетта дарина джамиля
злата иветта изабелла илона искра калерия лада лейла лолита люция
майя мальвина мирослава муза нелли ника нора павлина рада розалия
сабина сарра сильвия сима сусанна фанни флора фрида эдита элеонора
эльза эмма эрика юнона ядвига ярина
'''.split()

# ms-f diminutives / shared-gender names in -а.
MSF_NAMES = '''саша женя валя шура паша слава лера'''.split()

# Common nouns: animate masc (professions etc.).
ANIM_MASC_NOUNS = '''
директор инженер врач учитель строитель водитель продавец повар
юрист экономист бухгалтер программист художник писатель журналист
студент профессор доцент аспирант лаборант техник механик
электрик сварщик токарь слесарь плотник столяр маляр кровельщик
монтажник крановщик машинист пилот штурман капитан матрос боцман
солдат офицер генерал полковник майор лейтенант сержант курсант
банкир брокер менеджер агент консультант аналитик аудитор кассир
охранник курьер грузчик кладовщик товаровед фермер агроном зоотехник
ветеринар садовник пастух рыбак охотник лесник геолог археолог
историк филолог лингвист переводчик редактор корректор библиотекарь
архивист музыкант композитор дирижер скрипач пианист гитарист
барабанщик певец актер режиссер оператор сценарист продюсер критик
фотограф дизайнер архитектор скульптор гравер ювелир часовщик
сапожник портной ткач пекарь кондитер мясник бармен официант
парикмахер косметолог массажист тренер спортсмен футболист хоккеист
боксер борец пловец бегун прыгун лыжник гимнаст шахматист судья
депутат министр президент губернатор мэр сенатор посол консул
дипломат чиновник секретарь референт помощник заместитель начальник
руководитель председатель основатель владелец акционер инвестор
партнер клиент заказчик поставщик подрядчик арендатор квартирант
сосед гость хозяин путник странник турист пассажир пешеход велосипедист
мотоциклист таксист дальнобойщик диспетчер кондуктор контролер
'''.split()

# Inanimate masc nouns (hard consonant).
INAN_MASC_NOUNS = '''
завод город проспект переулок бульвар квартал стол стул шкаф диван ковер телевизор компьютер телефон
экран принтер сервер процессор диск кабель провод выключатель мотор
двигатель насос компрессор генератор трансформатор конденсатор
резистор транзистор микрофон динамик усилитель приемник передатчик
локатор радар спутник корабль самолет вертолет поезд вагон трамвай
троллейбус автобус грузовик трактор комбайн бульдозер экскаватор
кран подъемник лифт эскалатор конвейер станок пресс молот молоток
топор лом лопата грабли секатор рубанок напильник ключ болт
винт гайка шуруп гвоздь дюбель анкер уголок швеллер профиль лист
прокат слиток рулон моток клубок узел карман рукав воротник пояс
ремень шнурок ботинок сапог валенок кроссовок костюм пиджак свитер
джемпер плащ пуховик комбинезон фартук халат китель мундир погон
шлем каска берет картуз козырек зонт портфель рюкзак чемодан сундук
ящик короб контейнер поддон стеллаж верстак шуруповерт перфоратор
'''.split()

# Feminine nouns in -а.
FEMN_A_NOUNS = '''
машина дорога улица площадь школа больница аптека библиотека почта
фабрика ферма шахта скважина вышка башня стена крыша труба лестница
дверь комната кухня спальня веранда терраса беседка калитка
ограда тропа поляна роща береза сосна ель осина ива липа рябина
калина малина смородина клубника земляника черника брусника клюква
вишня слива груша яблоня айва хурма дыня тыква морковь свекла репа
редька капуста картошка луковица чеснок петрушка укроп мята душица
крапива лебеда полынь ромашка фиалка роза лилия астра гвоздика
сирень акация магнолия пальма лиана трава солома сено ботва кора
ветка почка листва хвоя шишка желудь коряга коряжина щепка доска
фанера плита черепица краска кисть грунтовка шпаклевка штукатурка
известка глина грязь пыль сажа зола вода река озеро лужа волна пена
роса капля туча молния радуга заря звезда луна планета комета
галактика орбита ракета станция платформа касса бумага
газета книга тетрадь ручка линейка папка карта схема таблица анкета
справка квитанция ведомость зарплата премия надбавка
ставка смета оценка отметка грамота медаль лента булавка пуговица
нитка иголка ножница линза призма пружина шестерня муфта втулка
прокладка мембрана турбина лопатка форсунка камера кабина панель
'''.split()

# Neuter nouns in -о.
NEUT_NOUNS = '''
окно село место дело тело колесо весло кресло ведро ядро зерно
полотно сукно звено бревно долото зубило шило мыло масло стекло
крыло перо гнездо корыто копыто болото озеро облако молоко яйцо
кольцо крыльцо лицо зеркало одеяло покрывало правило весло сверло
'''.split()

# Explicit common surnames (stems WITH suffix, masc nominative).
SURNAMES = '''
иванов петров сидоров смирнов кузнецов попов васильев соколов
михайлов новиков федоров морозов волков алексеев лебедев семенов
егоров павлов козлов степанов николаев орлов андреев макаров
никитин захаров зайцев соловьев борисов яковлев григорьев романов
воробьев сергеев кузьмин фролов александров дмитриев королев
гусев киселев ильин максимов поляков сорокин виноградов ковалев
белов медведев антонов тарасов жуков баранов филиппов комаров
давыдов беляев герасимов богданов осипов сафонов матвеев титов
марков мартынов кириллов тихонов аксенов назаров галкин лукин
ершов устинов дорофеев рябов юдин шестаков цветков данилов
карпов афанасьев власов маслов исаков тетерин гуляев родин
суханов шубин ефимов пестов ситников фокин носов терентьев
зуев панов селезнев мухин рогов савин горшков кудрявцев быков
ульянов путин зюганов жириновский миронов грудинин собянин
шойгу лавров громов горбачев ельцин брежнев хрущев косыгин
громыко савельев трофимов игнатьев блинов крылов потапов
'''.split()

# Adjectives (hard stems, -ый/-ий by velar rule).
ADJECTIVES = '''
глухой первомайский
новый старый большой малый высокий низкий широкий узкий длинный
короткий толстый тонкий тяжелый легкий быстрый медленный громкий
тихий яркий темный светлый чистый грязный свежий теплый холодный
горячий сухой мокрый твердый мягкий острый тупой гладкий шершавый
круглый квадратный плоский выпуклый прямой кривой ровный крутой
пологий глубокий мелкий полный пустой богатый бедный дорогой
дешевый ценный важный главный основной центральный местный
соседний дальний ближний верхний нижний передний задний левый
правый северный южный западный восточный летний зимний весенний
осенний утренний вечерний ночной дневной годовой месячный недельный
ежедневный постоянный временный внезапный случайный обычный
странный редкий частый единственный двойной тройной общий личный
частный государственный народный международный иностранный
русский московский городской сельский лесной полевой речной
морской горный степной рабочий служебный учебный научный
технический практический теоретический исторический современный
древний молодой зрелый детский взрослый мужской женский семейный
родной чужой знакомый известный знаменитый популярный успешный
сильный слабый здоровый больной живой мертвый веселый грустный
добрый злой умный глупый смелый трусливый честный хитрый щедрый
жадный вежливый грубый спокойный нервный серьезный смешной
красивый некрасивый прекрасный ужасный приятный противный
удобный неудобный полезный вредный опасный безопасный надежный
готовый способный возможный невозможный необходимый достаточный
'''.split()

# Verbs (infinitive in -ть; regular past in -л).
VERBS = '''
работать делать думать знать понимать говорить сказать спросить
ответить слушать слышать смотреть видеть читать писать считать
решать решить строить создать открыть закрыть начать кончить
продолжать остановить двигать везти нести брать взять давать дать
получать получить покупать купить продавать продать платить
стоить искать найти терять потерять держать бросать бросить
поднимать поднять опускать опустить ставить положить класть
вешать весить мерить проверять проверить исправлять исправить
менять изменить улучшать улучшить ухудшать портить чинить ломать
собирать собрать разбирать разобрать соединять соединить делить
разделить умножать складывать вычитать сравнивать сравнить
выбирать выбрать назначать назначить отправлять отправить
приглашать пригласить встречать встретить провожать проводить
помогать помочь мешать защищать защитить нападать побеждать
победить проигрывать выигрывать играть петь танцевать рисовать
готовить варить жарить печь резать мыть стирать гладить убирать
чистить красить копать сажать поливать собирать хранить беречь
тратить экономить зарабатывать вкладывать занимать одалживать
возвращать вернуть обещать выполнять выполнить нарушать нарушить
разрешать разрешить запрещать запретить приказывать просить
требовать предлагать предложить соглашаться отказываться
'''.split()


# ----------------------------------------------------------- templates

def spell_y(stem: str) -> str:
    """'ы' -> 'и' after velars and hushings (spelling rule)."""
    return 'и' if stem[-1] in VELAR_HUSH else 'ы'


def decl_masc_noun(lemma, anim, extra=''):
    """Hard-consonant masculine noun, sing+plur.

    Fleeting vowel: -ок / -ец lemmas drop the vowel in oblique forms
    (переулок -> переулка, продавец -> продавца) — without this the
    generated dictionary would carry nonexistent forms and miss the
    real obliques."""
    nom = lemma
    s = lemma
    if len(s) > 3 and s.endswith('ок') and s[-3] not in VOWELS:
        s = s[:-2] + 'к'
    elif len(s) > 3 and s.endswith('ец') and s[-3] not in VOWELS:
        s = s[:-2] + 'ц'
    y = spell_y(s)
    gp = 'ей' if s[-1] in HUSH else ('ев' if s[-1] == 'ц' else 'ов')
    a = 'anim' if anim else 'inan'
    rows = [
        (nom, 'NOUN %s masc nomn sing' % a),
        (s + 'а', 'NOUN %s gent masc sing' % a),
        (s + 'у', 'NOUN %s datv masc sing' % a),
        (s + 'а' if anim else nom, 'NOUN %s accs masc sing' % a),
        (s + 'ом', 'NOUN %s ablt masc sing' % a),
        (s + 'е', 'NOUN %s loct masc sing' % a),
        (s + y, 'NOUN %s masc nomn plur' % a),
        (s + gp, 'NOUN %s gent masc plur' % a),
        (s + 'ам', 'NOUN %s datv masc plur' % a),
        (s + gp if anim else s + y, 'NOUN %s accs masc plur' % a),
        (s + 'ами', 'NOUN %s ablt masc plur' % a),
        (s + 'ах', 'NOUN %s loct masc plur' % a),
    ]
    return [(w, (g + ' ' + extra).strip()) for w, g in rows]


def decl_soft_masc_noun(lemma, anim, extra=''):
    """Masculine noun in -ь/-й (soft); -ий lemmas take loct -ии."""
    s, a = lemma[:-1], 'anim' if anim else 'inan'
    loc = 'и' if lemma.endswith('ий') else 'е'
    rows = [
        (lemma, 'NOUN %s masc nomn sing' % a),
        (s + 'я', 'NOUN %s gent masc sing' % a),
        (s + 'ю', 'NOUN %s datv masc sing' % a),
        (s + 'я' if anim else lemma, 'NOUN %s accs masc sing' % a),
        (s + 'ем', 'NOUN %s ablt masc sing' % a),
        (s + loc, 'NOUN %s loct masc sing' % a),
        (s + 'и', 'NOUN %s masc nomn plur' % a),
        (s + 'ей', 'NOUN %s gent masc plur' % a),
        (s + 'ям', 'NOUN %s datv masc plur' % a),
        (s + 'ей' if anim else s + 'и', 'NOUN %s accs masc plur' % a),
        (s + 'ями', 'NOUN %s ablt masc plur' % a),
        (s + 'ях', 'NOUN %s loct masc plur' % a),
    ]
    return [(w, (g + ' ' + extra).strip()) for w, g in rows]


def _fleeting_gp(stem):
    """Zero-ending genitive plural with the fleeting vowel the
    naive bare stem misses: ветка -> веток, вишня -> вишен,
    окно -> окон (insert 'о' before final к, 'е' before final
    н/л/р when a consonant cluster would otherwise end the form)."""
    if len(stem) >= 2 and stem[-1] == 'к' and stem[-2] not in VOWELS:
        return stem[:-1] + 'ок'
    if len(stem) >= 2 and stem[-1] in 'нлр' and stem[-2] not in VOWELS:
        # о after velars (окно -> окон), е otherwise (зерно -> зерен,
        # кресло -> кресел, вишня -> вишен)
        vowel = 'о' if stem[-2] in 'кгх' else 'е'
        return stem[:-1] + vowel + stem[-1]
    return stem


def decl_femn_a(lemma, anim, extra='', gender='femn'):
    """Feminine (or ms-f) noun in -а/-я, sing+plur."""
    soft = lemma.endswith('я')
    s = lemma[:-1]
    y = 'и' if soft else spell_y(s)
    a = 'anim' if anim else 'inan'
    oi = 'ей' if soft else 'ой'
    # -ия lemmas (мария, станция): dative and locative take -ии
    e = 'и' if lemma.endswith('ия') else 'е'
    rows_sing = [
        (lemma, 'NOUN %s %s nomn sing' % (a, gender)),
        (s + y, 'NOUN %s gent %s sing' % (a, gender)),
        (s + e, 'NOUN %s datv %s sing' % (a, gender)),
        (s + ('ю' if soft else 'у'), 'NOUN %s accs %s sing' % (a, gender)),
        (s + oi, 'NOUN %s ablt %s sing' % (a, gender)),
        (s + e, 'NOUN %s %s loct sing' % (a, gender)),
    ]
    rows_plur = [
        (s + y, 'NOUN %s %s nomn plur' % (a, gender)),
        (_fleeting_gp(s), 'NOUN %s gent %s plur' % (a, gender)),
        (s + ('ям' if soft else 'ам'), 'NOUN %s datv %s plur' % (a, gender)),
        (_fleeting_gp(s) if anim else s + y,
         'NOUN %s accs %s plur' % (a, gender)),
        (s + ('ями' if soft else 'ами'), 'NOUN %s ablt %s plur' % (a, gender)),
        (s + ('ях' if soft else 'ах'), 'NOUN %s loct %s plur' % (a, gender)),
    ]
    rows = rows_sing + rows_plur
    return [(w, (g + ' ' + extra).strip()) for w, g in rows]


def decl_femn_soft(lemma, anim, extra=''):
    """Third-declension feminine noun in -ь (площадь, дверь):
    gent/datv/loct -и, ablt -ью; plural -и/-ей/-ям."""
    s, a = lemma[:-1], 'anim' if anim else 'inan'
    rows = [
        (lemma, 'NOUN %s femn nomn sing' % a),
        (s + 'и', 'NOUN %s femn gent sing' % a),
        (s + 'и', 'NOUN %s datv femn sing' % a),
        (lemma, 'NOUN %s accs femn sing' % a),
        (s + 'ью', 'NOUN %s ablt femn sing' % a),
        (s + 'и', 'NOUN %s femn loct sing' % a),
        (s + 'и', 'NOUN %s femn nomn plur' % a),
        (s + 'ей', 'NOUN %s femn gent plur' % a),
        (s + 'ям', 'NOUN %s datv femn plur' % a),
        (s + 'ей' if anim else s + 'и',
         'NOUN %s accs femn plur' % a),
        (s + 'ями', 'NOUN %s ablt femn plur' % a),
        (s + 'ях', 'NOUN %s femn loct plur' % a),
    ]
    return [(w, (g + ' ' + extra).strip()) for w, g in rows]


def decl_neut_o(lemma, extra=''):
    s = lemma[:-1]
    rows = [
        (lemma, 'NOUN inan neut nomn sing'),
        (s + 'а', 'NOUN gent inan neut sing'),
        (s + 'у', 'NOUN datv inan neut sing'),
        (lemma, 'NOUN accs inan neut sing'),
        (s + 'ом', 'NOUN ablt inan neut sing'),
        (s + 'е', 'NOUN inan loct neut sing'),
        (s + 'а', 'NOUN inan neut nomn plur'),
        (_fleeting_gp(s), 'NOUN gent inan neut plur'),
        (s + 'ам', 'NOUN datv inan neut plur'),
        (s + 'а', 'NOUN accs inan neut plur'),
        (s + 'ами', 'NOUN ablt inan neut plur'),
        (s + 'ах', 'NOUN inan loct neut plur'),
    ]
    return [(w, (g + ' ' + extra).strip()) for w, g in rows]


# irregular oblique stems the -ок/-ец rule does not cover
_IRREGULAR_NAME_STEMS = {'лев': 'льв', 'павел': 'павл'}


def decl_male_name(lemma):
    """Male first name: consonant / -й / -ь / -а / -я endings."""
    irr = _IRREGULAR_NAME_STEMS.get(lemma)
    if irr:
        return [
            (lemma, 'NOUN Name anim masc nomn sing'),
            (irr + 'а', 'NOUN Name anim gent masc sing'),
            (irr + 'у', 'NOUN Name anim datv masc sing'),
            (irr + 'а', 'NOUN Name accs anim masc sing'),
            (irr + 'ом', 'NOUN Name ablt anim masc sing'),
            (irr + 'е', 'NOUN Name anim loct masc sing'),
        ]
    last = lemma[-1]
    if last in VOWELS:
        if last in 'ая':
            return decl_femn_a(lemma, True, 'Name', gender='masc')[:6]
        return [(lemma, 'NOUN Name anim masc nomn sing')]  # indeclinable
    if last in 'йь':
        return decl_soft_masc_noun(lemma, True, 'Name')[:6]
    return decl_masc_noun(lemma, True, 'Name')[:6]


def decl_female_name(lemma):
    last = lemma[-1]
    if last in 'ая':
        return decl_femn_a(lemma, True, 'Name')[:6]
    if last == 'ь':  # любовь-type
        s = lemma[:-1]
        return [
            (lemma, 'NOUN Name anim femn nomn sing'),
            (s + 'и', 'NOUN Name anim femn gent sing'),
            (s + 'и', 'NOUN Name anim datv femn sing'),
            (lemma, 'NOUN Name accs anim femn sing'),
            (s + 'ью', 'NOUN Name ablt anim femn sing'),
            (s + 'и', 'NOUN Name anim femn loct sing'),
        ]
    return [(lemma, 'NOUN Name anim femn nomn sing')]  # indeclinable


def decl_msf_name(lemma):
    return decl_femn_a(lemma, True, 'Name ms-f', gender='')[:6]


def decl_surname(lemma):
    """-ов/-ев/-ёв/-ин/-ын possessive declension: masc + femn + plur.
    Returns (masc_lemma_rows, femn_lemma_rows) — femn is its own
    lemma (stem + а), like OpenCorpora."""
    s = lemma
    masc = [
        (s, 'NOUN Surn anim masc nomn sing'),
        (s + 'а', 'NOUN Surn anim gent masc sing'),
        (s + 'у', 'NOUN Surn anim datv masc sing'),
        (s + 'а', 'NOUN Surn accs anim masc sing'),
        (s + 'ым', 'NOUN Surn ablt anim masc sing'),
        (s + 'е', 'NOUN Surn anim loct masc sing'),
        (s + 'ы', 'NOUN Surn anim masc nomn plur'),
        (s + 'ых', 'NOUN Surn anim gent masc plur'),
        (s + 'ым', 'NOUN Surn anim datv masc plur'),
        (s + 'ых', 'NOUN Surn accs anim masc plur'),
        (s + 'ыми', 'NOUN Surn ablt anim masc plur'),
        (s + 'ых', 'NOUN Surn anim loct masc plur'),
    ]
    femn = [
        (s + 'а', 'NOUN Surn anim femn nomn sing'),
        (s + 'ой', 'NOUN Surn anim femn gent sing'),
        (s + 'ой', 'NOUN Surn anim datv femn sing'),
        (s + 'у', 'NOUN Surn accs anim femn sing'),
        (s + 'ой', 'NOUN Surn ablt anim femn sing'),
        (s + 'ой', 'NOUN Surn anim femn loct sing'),
    ]
    return masc, femn


def decl_adjective(lemma):
    """Full adjective paradigm (ADJF): hard (-ый/-ой), velar (-кий),
    soft (-ний: соседнего/соседняя/соседней), and hushing-stem
    (-жий/-чий/-ший/-щий: свежего/свежему) declensions."""
    s = lemma[:-2]
    soft = lemma.endswith('ний')
    hush = bool(s) and s[-1] in HUSH
    y = 'и' if soft or (s and s[-1] in VELAR_HUSH) else 'ы'
    # oblique masc/neut endings and feminine vowel by stem class
    go = 'его' if (soft or hush) else 'ого'
    mu = 'ему' if (soft or hush) else 'ому'
    om = 'ем' if soft else 'ом'
    fa, fu = ('яя', 'юю') if soft else ('ая', 'ую')
    fo = 'ей' if (soft or hush) else 'ой'
    no = 'ее' if (soft or hush) else 'ое'
    nom_m = lemma
    rows = [
        (nom_m, 'ADJF masc nomn sing'),
        (s + go, 'ADJF gent masc sing'),
        (s + mu, 'ADJF datv masc sing'),
        (s + go, 'ADJF accs anim masc sing'),
        (nom_m, 'ADJF accs inan masc sing'),
        (s + y + 'м', 'ADJF ablt masc sing'),
        (s + om, 'ADJF loct masc sing'),
        (s + fa, 'ADJF femn nomn sing'),
        (s + fo, 'ADJF femn gent sing'),
        (s + fo, 'ADJF datv femn sing'),
        (s + fu, 'ADJF accs femn sing'),
        (s + fo, 'ADJF ablt femn sing'),
        (s + fo, 'ADJF femn loct sing'),
        (s + no, 'ADJF neut nomn sing'),
        (s + go, 'ADJF gent neut sing'),
        (s + mu, 'ADJF datv neut sing'),
        (s + no, 'ADJF accs neut sing'),
        (s + y + 'м', 'ADJF ablt neut sing'),
        (s + om, 'ADJF loct neut sing'),
        (s + y + 'е', 'ADJF nomn plur'),
        (s + y + 'х', 'ADJF gent plur'),
        (s + y + 'м', 'ADJF datv plur'),
        (s + y + 'х', 'ADJF accs anim plur'),
        (s + y + 'е', 'ADJF accs inan plur'),
        (s + y + 'ми', 'ADJF ablt plur'),
        (s + y + 'х', 'ADJF loct plur'),
    ]
    return rows


def decl_verb(lemma):
    """Infinitive + regular past tense.  No aspect/transitivity
    grammemes: the curated list mixes perfective and imperfective
    verbs and a wrong aspect reading is worse than an absent one.
    Irregular -сть/-зть/-чь pasts (класть -> клал) are not regular
    s+'л'; emit the infinitive only for those."""
    if lemma.endswith(('сть', 'зть', 'чь')):
        return [(lemma, 'INFN')]
    s = lemma[:-2]
    return [
        (lemma, 'INFN'),
        (s + 'л', 'VERB indc masc past sing'),
        (s + 'ла', 'VERB femn indc past sing'),
        (s + 'ло', 'VERB indc neut past sing'),
        (s + 'ли', 'VERB indc past plur'),
    ]


def derive_surname(root: str):
    """Form a surname stem from a root word (the productive -ов/-ев/-ин
    pattern real Russian surnames follow)."""
    last = root[-1]
    if last in 'ая':
        return root[:-1] + 'ин'
    if last in 'йь':
        return root[:-1] + 'ев'
    if last in HUSH or last == 'ц':
        return root + 'ев'
    if last in VOWELS:
        return None
    return root + 'ов'


# ----------------------------------------------------------- assembly

def build_lexemes():
    """-> list of (lemma, [(word, grams_str), ...]) in deterministic
    order; one entry per lexeme (surnames contribute two)."""
    lexemes = []
    seen = set()

    def add(lemma, rows):
        if lemma in seen or not rows:
            return
        seen.add(lemma)
        lexemes.append((lemma, rows))

    for n in sorted(set(MALE_NAMES)):
        add(n, decl_male_name(n))
    for n in sorted(set(FEMALE_NAMES)):
        add(n, decl_female_name(n))
    for n in sorted(set(MSF_NAMES)):
        add(n, decl_msf_name(n))

    surnames = set(SURNAMES)
    # derive only from PERSON roots (names + professions — the
    # historical surname sources: Столяров, Кузнецов).  Deriving from
    # arbitrary nouns would add a Surn reading to every noun's
    # genitive plural ('пять заводов' must never match gram('Surn')).
    for root in sorted(set(MALE_NAMES) | set(ANIM_MASC_NOUNS)):
        d = derive_surname(root)
        if d and len(d) >= 5:
            surnames.add(d)
    for sn in sorted(surnames):
        if not (sn.endswith('ов') or sn.endswith('ев')
                or sn.endswith('ин') or sn.endswith('ын')
                or sn.endswith('ёв')):
            continue  # non-declinable surname shapes are out of scope
        masc, femn = decl_surname(sn)
        add(sn, masc)
        add(sn + 'а', femn)

    for n in sorted(set(ANIM_MASC_NOUNS)):
        rows = (decl_soft_masc_noun(n, True) if n[-1] in 'йь'
                else decl_masc_noun(n, True) if n[-1] not in VOWELS
                else None)
        if rows:
            add(n, rows)
    for n in sorted(set(INAN_MASC_NOUNS)):
        rows = (decl_soft_masc_noun(n, False) if n[-1] in 'йь'
                else decl_masc_noun(n, False) if n[-1] not in VOWELS
                else None)
        if rows:
            add(n, rows)
    for n in sorted(set(FEMN_A_NOUNS)):
        if n[-1] in 'ая':
            add(n, decl_femn_a(n, False))
        elif n.endswith('ь'):
            add(n, decl_femn_soft(n, False))
    for n in sorted(set(NEUT_NOUNS)):
        if n.endswith('о'):
            add(n, decl_neut_o(n))
    for a in sorted(set(ADJECTIVES)):
        if a.endswith(('ый', 'ий', 'ой')):
            add(a, decl_adjective(a))
    for v in sorted(set(VERBS)):
        if v.endswith('ть'):
            add(v, decl_verb(v))
    return lexemes


_SYNTH_SYLLABLES = (
    'ба во га ди же зо ку ла ми но пе ра су та фи хо це ча ше щу '
    'бра вло гре дри жна зло кри лна мро нпе пла рва сни тло'.split())


def synth_lexemes(n_base: int):
    """Deterministic pseudo-lemmas across the declension classes —
    scales the dictionary to production size (pymorphy2's OpenCorpora
    build is ~390k lemmas / ~5M forms; this exercises the same
    from_parquet/broadcast/memo path without shipping a corpus).
    Stems are syllable products, so the set is reproducible and
    collision-free with the real word lists at any size."""
    out = []
    seen = set()
    n_syl = len(_SYNTH_SYLLABLES)
    if n_base > n_syl ** 4:
        raise ValueError('stem space exhausted: max %d base lexemes'
                         % n_syl ** 4)
    for i in range(n_base):
        # base-n_syl digits -> one stem per i (three syllables cycle
        # at n_syl^3 and would silently duplicate lemmas,
        # double-appending their paradigm rows and inflating counts);
        # variable-length syllables can still collide across digit
        # counts, so an explicit seen-set guards lemma uniqueness
        digits = (i % n_syl, (i // n_syl) % n_syl,
                  (i // n_syl ** 2) % n_syl, (i // n_syl ** 3) % n_syl)
        stem = ''.join(_SYNTH_SYLLABLES[dg] for dg in
                       (digits if i >= n_syl ** 3 else digits[:3]))
        if stem in seen:
            continue
        seen.add(stem)
        cls = i % 5
        if cls == 0:
            lemma = stem + 'р'
            out.append((lemma, decl_masc_noun(lemma, False)))
        elif cls == 1:
            lemma = stem + 'ка'
            out.append((lemma, decl_femn_a(lemma, False)))
        elif cls == 2:
            lemma = stem + 'но'
            out.append((lemma, decl_neut_o(lemma)))
        elif cls == 3:
            lemma = stem + 'ный'
            out.append((lemma, decl_adjective(lemma)))
        else:
            sn = stem + 'нов'
            masc, femn = decl_surname(sn)
            out.append((sn, masc))
            out.append((sn + 'а', femn))
    return out


def build_tables(n_synth: int = 0):
    """-> (entry_rows, paradigm_rows) per Morphology.from_rows;
    ``n_synth`` appends that many synthetic base lexemes (see
    ``synth_lexemes``) for scale exercises."""
    lexemes = build_lexemes()
    if n_synth:
        have = {lemma for lemma, _ in lexemes}
        lexemes += [(lemma, rows) for lemma, rows
                    in synth_lexemes(n_synth) if lemma not in have]
    by_word = {}
    paradigm_rows = []
    for lemma, rows in lexemes:
        for i, (word, grams) in enumerate(rows):
            paradigm_rows.append((lemma, i, word, grams.split()))
            by_word.setdefault(word, []).append((lemma, grams, i))
    entry_rows = []
    for word in sorted(by_word):
        # reading order: lemma, then PARADIGM ROW ORDER — paradigms
        # open with the nominative, so forms[0] of an ambiguous
        # surface ('глухой': masc-nomn vs femn-oblique) is the
        # nominative reading, mirroring pymorphy's frequency-ranked
        # first parse (grams-alphabetical order put 'ablt femn'
        # first, flipping closest-form inflection to the wrong
        # gender).
        first_row = {}
        for lemma, grams, i in by_word[word]:
            key = (lemma, grams)
            if key not in first_row or i < first_row[key]:
                first_row[key] = i
        readings = sorted(first_row,
                          key=lambda k: (k[0], first_row[k]))
        for i, (lemma, grams) in enumerate(readings):
            entry_rows.append((word, i, lemma, grams.split()))
    return entry_rows, paradigm_rows


def write_parquet(out_dir: str, n_synth: int = 0) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    entry_rows, paradigm_rows = build_tables(n_synth)
    os.makedirs(out_dir, exist_ok=True)

    def table(rows, names):
        cols = list(zip(*rows))
        arrays = [pa.array(c) for c in cols]
        return pa.table(dict(zip(names, arrays)))

    # sorted by word/lemma with capped row groups: a deterministic
    # file, and min-max statistics a filtered reader could prune on
    ent = table(sorted(entry_rows, key=lambda r: (r[0], r[1])),
                ['word', 'form_idx', 'lemma', 'grams'])
    par = table(sorted(paradigm_rows, key=lambda r: (r[0], r[1])),
                ['lemma', 'row_idx', 'word', 'grams'])
    pq.write_table(ent, os.path.join(out_dir, 'lexicon_entries.parquet'),
                   compression='zstd', row_group_size=32768)
    pq.write_table(par, os.path.join(out_dir, 'lexicon_paradigms.parquet'),
                   compression='zstd', row_group_size=32768)
    lemmas = {r[0] for r in paradigm_rows}
    return {'words': len({r[0] for r in entry_rows}),
            'entry_rows': len(entry_rows),
            'paradigm_rows': len(paradigm_rows),
            'lemmas': len(lemmas)}


if __name__ == '__main__':
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        'yargy_spark', 'data')
    n_synth = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    print(write_parquet(out, n_synth))
